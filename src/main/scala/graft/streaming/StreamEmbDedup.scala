package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{broadcast, col, round, sqrt}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** STREAMING EMBEDDING near-dup gate — the vector analog of
  * [[StreamDedup]]: documents' embeddings arrive on a stream and every
  * newcomer is checked against the corpus seen so far through
  * random-hyperplane LSH bucket state, emitting cosine ≥ τ pairs as they
  * become known. This is the SemDeDup-style semantic-dedup valve run at
  * ingest, where the text gate can't see paraphrase-level duplication.
  *
  * Topology (the round-9 lean-state shape shared with [[StreamDedup]]):
  * a typed flatMap computes each vector's 16 hyperplane table buckets
  * (JVM mirror of the batch hyperplane-LSH lanes — same deterministic
  * integer-mix plane weights as `Similarity.embeddingTop3`/`lshTopK`);
  * `flatMapGroupsWithState` keyed on (table, bucket) stores prior
  * members and emits each bucket-mate pair ONCE via the
  * smallest-shared-table election. Exact cosine confirm is DOWNSTREAM
  * and STATELESS: a stream-static join against the embedding corpus +
  * the codegen'd FloatVecDot kernel. Retention bounding composes
  * exactly as in [[StreamDedup.candidatesBounded]] (watermark + ts in
  * state + event-time timeout) when the deployment's duplicate horizon
  * is bounded.
  *
  * State layout (round 15, found at the sf100 drive): members are
  * PACKED PRIMITIVE ARRAYS of (vec_id, bucket keys for tables BELOW the
  * group's own table index). Two measured costs drove this off the
  * previous `List[(id, all-16-keys)]` shape. (1) The election only ever
  * reads keys at tables < tIdx — both members share THIS table's bucket
  * by construction, so the pair is elected here iff no earlier table
  * already shares; storing the suffix was dead weight (avg 7.5 of 16
  * entries live). (2) fmgws rewrites a group's WHOLE value per update,
  * and Catalyst encodes a List of case-classes per element — at sf100
  * (2M vectors × 16 tables, ~64 members/bucket by [[planesForCorpus]])
  * the re-encode + RocksDB changelog churn made the gate ~9 min per
  * 125k-vector micro-batch. Primitive arrays encode as one
  * UnsafeArrayData memcopy, the per-batch merge does ONE state.update
  * per touched group ([[BucketGate]]), and member bytes drop ~2.6×
  * (8 + 4·tIdx vs ~100).
  * Shuffle rows shrink identically (prefix rides the exchange, not the
  * full key vector).
  *
  * Recall contract: a pair is surfaced iff the two vectors share at
  * least one of the 16 tables — the same candidate contract as the
  * batch hyperplane-LSH path (measured ≈0.996 at cos 0.9 for these
  * 16×8-bit lanes); the confirm stage never admits a sub-τ pair. */
object StreamEmbDedup {

  /** An LSH candidate pair (bucket-mates in ≥1 table), elected exactly
    * once on the smallest shared table. */
  final case class VecCandidate(id1: Long, id2: Long, table_idx: Int)

  /** A confirmed cosine ≥ τ pair, reported on its electing table lane. */
  final case class VecNearDup(id1: Long, id2: Long, cos: Double, table_idx: Int)

  private val NTables = 16
  private val NPlanes = 8

  /** Deterministic hyperplane weights in [-0.5, 0.5) — the same integer
    * mix as the batch LSH lanes, so signatures are stable across runs,
    * executors, and engines. */
  private def wgt(t: Int, p: Int, i: Int): Double =
    ((((t * 7919L + p * 131L + i * 31L + 7L) * 2654435761L) % 1000003L + 1000003L) % 1000003L)
      .toDouble / 1000003.0 - 0.5

  /** The 16 table buckets of one embedding: per table, one sign bit per
    * hyperplane (left-to-right double fold, the FloatVecDot order).
    *
    * `nPlanes` is the SATURATION knob (round 13, found by the sf100
    * StreamDemo probe OOMing inside this gate): a (table, bucket) group
    * holds ~N/2^nPlanes members, and every bucket-mate pair is a
    * candidate, so candidate volume is ~N²/2^nPlanes per table. At the
    * default 8 bits a 2M-vector corpus puts ~7.8k members in every
    * bucket — ~10¹¹ candidate pairs, a quadratic wall no pairing-loop
    * micro-optimization survives. Production sizes bucket bits with the
    * corpus: nPlanes ≈ log2(N / targetBucket) (see
    * [[planesForCorpus]]), trading per-table recall (sign-agreement^
    * nPlanes) that deployments buy back with more tables or multi-probe
    * — the same posting-cap/probe economics as the batch over-cap ANN
    * legs. */
  private[graft] def tableBuckets(v: Array[Float], nPlanes: Int): Array[Int] =
    Array.tabulate(NTables) { t =>
      var bucket = 0
      var p = 0
      while (p < nPlanes) {
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * wgt(t, p, i); i += 1 }
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      bucket
    }

  /** Seq convenience for specs/truth recomputes. The hot path decodes
    * straight to Array[Float] and never goes through here: Spark's
    * `Seq[T]` deserializer builds an immutable LIST, whose O(i) apply
    * turned each hyperplane dot quadratic — jstacked at the sf100 drive
    * as the gate's top frame (~15k indexed reads per vector through
    * List.drop). Found round 15. */
  private[graft] def tableBuckets(v: Seq[Float], nPlanes: Int): Array[Int] =
    tableBuckets(v.toArray, nPlanes)

  private[graft] def tableBuckets(v: Seq[Float]): Array[Int] =
    tableBuckets(v.toArray, NPlanes)

  /** Bucket bits for a corpus of `n` vectors targeting ~`targetBucket`
    * members per (table, bucket): candidate work per newcomer stays
    * O(tables × targetBucket) at any corpus size. Floor 8 = the measured
    * ≈0.996 @ cos 0.9 recall point for small corpora; cap 24 keeps the
    * bucket id in an Int with headroom. */
  def planesForCorpus(n: Long, targetBucket: Int = 64): Int =
    math.min(24, math.max(NPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))

  /** Packed bucket-member state: `ids(j)` is member j's vec_id and
    * `pre(j*t .. j*t+t-1)` its bucket keys at tables 0..t-1, where t is
    * the group's own table index (constant per group, so no offsets are
    * stored). Table 0 groups store ids only. */
  final case class PackedVecMembers(ids: Array[Long], pre: Array[Int])

  /** Candidate pairs from a streaming (vec_id, embedding) frame, each
    * pair emitted exactly once (when its later vector arrives).
    * `nPlanes`: bucket bits per table — size with [[planesForCorpus]]
    * for the expected corpus (the default 8 saturates above ~100k
    * vectors; see [[tableBuckets]]).
    *
    * BUCKET CAP (round 16, r15 verdict #5): per-batch gate cost grows
    * ~linearly with the accumulated corpus because every newcomer pairs
    * against all prior bucket-mates (~3.8n members at batch n on the
    * sf100 drive — the algorithmic term the corpus shape dictates, not a
    * constant). `spark.graft.embGateBucketCap` > 0 bounds each (table,
    * bucket) group to a ring of its newest N members — pairing work and
    * state become O(tables × N) per newcomer at any corpus size. The
    * cap only LOSES pairs, never duplicates one: election reads
    * SIGNATURES (the newcomer's prefix vs the member's stored prefix),
    * so at most one shared table emits a pair regardless of which
    * tables still hold the member; the flip side is that a pair is
    * missed iff the earlier vector rotated out of the SMALLEST
    * signature-shared table's ring before the later one arrived —
    * a higher shared table that still holds it never re-elects,
    * because [[BucketGate]]'s election sees the smaller shared table in the
    * signatures (bucket occupancy differs per table, so this is
    * strictly more misses than "rotated out of every shared table").
    * One contract narrows: the unbounded gate's membership check also
    * deduped a REDELIVERED vec_id forever, while a ring only remembers
    * the newest N — under the cap, feed-level exactly-once (which the
    * file/Kafka sources provide) is the idempotence boundary. Default 0
    * keeps the exact-candidate contract (bit-identical to r15). */
  def candidates(vecs: DataFrame, nPlanes: Int = NPlanes): Dataset[VecCandidate] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // read ONCE at stream build; the closure captures the values
    val bucketCap = graft.Conf.int(spark, graft.Conf.EmbGateBucketCapConf, 0)
    // SUB-BUCKET SHARDS (round 19, r18 verdict #1): K > 1 splits every
    // (table, bucket) state group K ways so partitioning can spread a hot
    // bucket. A vector STORES in shard pmod(id, K) and PROBES all K
    // shards (store row + K-1 probe rows per table); each prior member
    // lives in exactly one shard, so a cross-batch pair is still found
    // exactly once, and a within-batch pair is elected only in the
    // earlier member's store shard (probe rows never store; see
    // [[BucketGate]]). Election prefixes don't see shards. Under the ring cap,
    // each shard keeps cap/K so the bucket total stays ≈ cap.
    val shards = math.max(1, graft.Conf.int(spark, graft.Conf.EmbGateShardsConf, 1))
    val shardCap =
      if (bucketCap > 0) math.max(1, bucketCap / shards) else 0
    vecs
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])] // Array, not Seq: the Seq decoder builds a List (O(i) apply)
      .flatMap { case (id, v) =>
        val buckets = tableBuckets(v, nPlanes)
        val own = java.lang.Math.floorMod(id, shards.toLong).toInt
        // each table row carries only the PREFIX (tables below its own)
        // — all the smallest-shared-table election ever reads
        buckets.iterator.zipWithIndex.flatMap { case (b, t) =>
          val p = buckets.take(t)
          // shard rides the bucket key (b·K + s): the state key stays a
          // 2-tuple, so K = 1 is bit-identical to the unsharded layout
          (0 until shards).iterator
            .map(sh => (t, b * shards + sh, id, p, sh == own))
        }
      }
      .groupByKey { case (t, cb, _, _, _) => (t, cb) }
      .flatMapGroupsWithState[PackedVecMembers, VecCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((tIdx, _), rows, state) =>
          val st = state.getOption
            .getOrElse(PackedVecMembers(Array.emptyLongArray, Array.emptyIntArray))
          val g = BucketGate(BucketGate.Ints, tIdx, shardCap, st.ids, st.pre)(
            rows.map { case (_, _, id, p, store) => BucketGate.In(id, p, (), store) })
          val out = scala.collection.mutable.ArrayBuffer.empty[VecCandidate]
          g.pair { (i, j) =>
            val id = g.in(i).id
            out += VecCandidate(math.min(id, g.id(j)), math.max(id, g.id(j)), tIdx)
          }
          g.commit(state)(PackedVecMembers(g.ids, g.pre))
          out.iterator
      }
  }

  /** Static (vec_id, embedding, nrm) confirm-side frame. Consumed twice
    * per micro-batch (h1/h2 aliases), so it is `.cache()`d — the first
    * batch pays the norm scan, later batches reuse the blocks — unless
    * the corpus ALREADY carries an `nrm` column (the production shape:
    * an embedding store with norms materialized at write time), which is
    * used as-is. The cache pins the corpus snapshot; a growing store
    * should pass the pre-normed table. */
  private def normedCorpus(corpus: DataFrame): DataFrame = {
    val dot = graft.plans.VectorExpressions.floatDot _
    if (corpus.columns.contains("nrm")) corpus.select("vec_id", "embedding", "nrm")
    else corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm")).cache()
  }

  /** The confirm-side join pair, routed on the STORE size against
    * [[graft.Conf.AnnServeCapConf]] — the annServeCap recipe applied to
    * the streaming confirm (round 14, found at the sf100 drive):
    *
    *  - UNDER the cap (store ≤ ~10⁷ vectors): BROADCAST the store on
    *    both confirm sides. The candidate stream then never crosses an
    *    exchange — the cosine computes in the candidate stage and only
    *    confirmed τ-pairs survive. Without this, each micro-batch
    *    SHUFFLES the candidate stream twice, the second time carrying
    *    ~260 B/row of vector payload: on the sf100 tiled corpus (lumpy
    *    buckets → e8-row candidate batches) one batch's confirm shuffle
    *    burned >52 GB of disk and killed the drive.
    *  - ABOVE the cap: shuffle_hash pinned on the corpus side (round 13
    *    — Catalyst would otherwise build a broadcast on the CANDIDATE
    *    side, which is unbounded; hash-partitioning both sides on
    *    vec_id survives any store size, at fleet-disk shuffle cost).
    *
    * Never the candidate side: the fmgws output carries no usable size
    * estimate and AQE is off in stateful plans.
    *
    * One broadcast build per micro-batch, not two (measured, round 15):
    * with AQE off — the stateful-plan regime this runs in — Catalyst's
    * ReuseExchange canonicalizes the h1/h2 subtrees equal (alias names
    * erase), so the second join reads a ReusedExchange of the first's
    * relation. A probe of the same join shape under AQE shows NO static
    * reuse (AQE handles it at runtime via stage caching instead) — do
    * not "simplify" this into two visibly-shared plans on that
    * evidence. */
  private def confirmSides(normed: DataFrame): (DataFrame, DataFrame) = {
    val s = normed.sparkSession
    val serveCap = graft.operators.Guards.annServeCap(s)
    val h1 = normed.toDF("vec_id", "v1", "n1")
    val h2 = normed.toDF("vec_id", "v2", "n2")
    // BYTE-scaled threshold (round 15, advice): annServeCap encodes a
    // ~0.9 GB memory envelope derived at ~90 B/vector SERVING rows, but a
    // confirm row carries the FULL float vector (4·Dim) + id + norm —
    // ~3× wider at Dim=64 — so a raw count test near the cap would build
    // multi-GB broadcasts outside that envelope. Compare corpus bytes
    // against cap×90 instead: the broadcast stays inside the same budget
    // at any dimension. Both stats run once at stream build, not per
    // micro-batch (sf100: 2M × 272 B = 544 MB → broadcast, as measured).
    val n = normed.count()
    val rowBytes =
      if (n == 0L) 90L
      else 4L * normed.select(col("embedding")).head.getSeq[Float](0).length + 16L
    // saturating, not wrapping: a huge cap override (e.g. Long.MaxValue,
    // the natural "always broadcast" spelling) must not flip the routing
    // to shuffle via overflow (round 15, review)
    val capBytes =
      if (serveCap > Long.MaxValue / 90L) Long.MaxValue else serveCap * 90L
    if (n <= capBytes / rowBytes) (broadcast(h1), broadcast(h2))
    else (h1.hint("shuffle_hash"), h2.hint("shuffle_hash"))
  }

  /** Confirmed cosine ≥ τ pairs. `corpus`: static (vec_id, embedding)
    * resolving every admitted vector (the embedding store in
    * production). Cosines round to 6 dp like the batch operators. */
  def nearDups(vecs: DataFrame, corpus: DataFrame,
      tau: Double = 0.9, nPlanes: Int = NPlanes): Dataset[VecNearDup] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dot = graft.plans.VectorExpressions.floatDot _
    val (h1, h2) = confirmSides(normedCorpus(corpus))
    candidates(vecs, nPlanes).toDF()
      .join(h1, col("id1") === h1("vec_id")).drop("vec_id")
      .join(h2, col("id2") === h2("vec_id")).drop("vec_id")
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= tau)
      .select(col("id1"), col("id2"), col("cos"), col("table_idx"))
      .as[VecNearDup]
  }

  /** One row per confirmed pair — already distinct by the
    * smallest-shared-table election. */
  def distinctPairs(vecs: DataFrame, corpus: DataFrame,
      tau: Double = 0.9, nPlanes: Int = NPlanes): DataFrame =
    nearDups(vecs, corpus, tau, nPlanes).toDF().drop("table_idx")

  /** A bounded-form candidate pair, stamped with the later vector's ts. */
  final case class TimedVecCandidate(id1: Long, id2: Long, table_idx: Int,
      ts: java.sql.Timestamp)

  /** [[PackedVecMembers]] plus each member's event-time millis (for
    * retention eviction). */
  final case class PackedTimedVecMembers(ids: Array[Long], pre: Array[Int],
      tsMs: Array[Long])

  /** RETENTION-BOUNDED candidate stage — the [[StreamDedup.candidatesBounded]]
    * machinery for vectors: `vecs` is a streaming (vec_id, embedding, ts)
    * frame; the watermark is declared on the flatMap OUTPUT (typed maps
    * strip the event-time tag), members older than the watermark evict
    * BEFORE pairing, and an event-time timeout at (newest member + 1 ms)
    * sweeps idle buckets — state is O(vectors inside retention), in the
    * same packed prefix-key layout as the unbounded form (+8 B/member
    * for the eviction timestamp).
    *
    * BUCKET CAP (round 17, r16 verdict #2): retention bounds TOTAL state
    * but nothing bounds one hot (table, bucket) group inside the window —
    * the exact skew that ate the r15 sf100 drive recurs here whenever a
    * bucket's arrival rate × retention exceeds the workable member count.
    * `spark.graft.embGateBucketCap` > 0 therefore also caps this lane:
    * each group keeps a ring of its newest N members, with eviction order
    * respecting the watermark — EXPIRED members leave first (they were
    * never pair candidates), then oldest-by-arrival until the ring fits.
    * Same miss condition as the unbounded ring: a pair is missed iff the
    * earlier vector left the SMALLEST signature-shared table's ring
    * before the later one arrived. Default 0 keeps the exact
    * retention-window contract.
    *
    * `nPlanes` (round 17): the same saturation dial as [[candidates]] —
    * size with [[planesForCorpus]] for the vectors expected INSIDE one
    * retention window (the 8-bit default saturates above ~100k members,
    * the r13 wall). */
  def candidatesBounded(vecs: DataFrame,
      retention: String, nPlanes: Int = NPlanes): Dataset[TimedVecCandidate] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // read ONCE at stream build; the closures capture the values
    val bucketCap = graft.Conf.int(spark, graft.Conf.EmbGateBucketCapConf, 0)
    // sub-bucket shards (round 19): same store/probe fan-out as
    // [[candidates]] — see [[graft.Conf.EmbGateShardsConf]]
    val shards = math.max(1, graft.Conf.int(spark, graft.Conf.EmbGateShardsConf, 1))
    val shardCap =
      if (bucketCap > 0) math.max(1, bucketCap / shards) else 0
    vecs
      .select("vec_id", "embedding", "ts")
      .as[(Long, Array[Float], java.sql.Timestamp)]
      .flatMap { case (id, v, ts) =>
        val buckets = tableBuckets(v, nPlanes)
        val own = java.lang.Math.floorMod(id, shards.toLong).toInt
        buckets.iterator.zipWithIndex.flatMap { case (b, t) =>
          val p = buckets.take(t)
          (0 until shards).iterator
            .map(sh => (t, b * shards + sh, id, p, ts, sh == own))
        }
      }
      .toDF("table_idx", "bucket", "vec_id", "buckets", "ts", "store")
      .withWatermark("ts", retention)
      .as[(Int, Int, Long, Array[Int], java.sql.Timestamp, Boolean)]
      .groupByKey { case (t, cb, _, _, _, _) => (t, cb) }
      .flatMapGroupsWithState[PackedTimedVecMembers, TimedVecCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((tIdx, _), rows, state) =>
          val st = state.getOption.getOrElse(
            PackedTimedVecMembers(Array.emptyLongArray, Array.emptyIntArray,
              Array.emptyLongArray))
          val g = BucketGate(BucketGate.Ints, tIdx, shardCap, st.ids, st.pre, st.tsMs,
              state.getCurrentWatermarkMs())(
            rows.map { case (_, _, id, p, ts, store) =>
              BucketGate.In(id, p, ts, store, ts.getTime) })
          val out = scala.collection.mutable.ArrayBuffer.empty[TimedVecCandidate]
          g.pair { (i, j) =>
            val in = g.in(i)
            out += TimedVecCandidate(math.min(in.id, g.id(j)), math.max(in.id, g.id(j)),
              tIdx, in.row)
          }
          g.commit(state)(PackedTimedVecMembers(g.ids, g.pre, g.tsMs))
          out.iterator
      }
  }

  /** Retention-bounded confirmed pairs — [[candidatesBounded]] +
    * the stateless corpus confirm join. */
  def distinctPairsBounded(vecs: DataFrame, corpus: DataFrame,
      retention: String, tau: Double = 0.9,
      nPlanes: Int = NPlanes): DataFrame = {
    val dot = graft.plans.VectorExpressions.floatDot _
    val (h1, h2) = confirmSides(normedCorpus(corpus))
    candidatesBounded(vecs, retention, nPlanes).toDF()
      .join(h1, col("id1") === h1("vec_id")).drop("vec_id")
      .join(h2, col("id2") === h2("vec_id")).drop("vec_id")
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= tau)
      .select(col("id1"), col("id2"), col("cos"), col("ts"))
  }
}
