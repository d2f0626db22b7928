package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** STREAMING perceptual IMAGE near-dup gate — the image analog of
  * [[StreamDedup]] (text MinHash-LSH) and [[StreamEmbDedup]] (embedding
  * hyperplane-LSH), completing the modality set of ingest-time dedup
  * valves: payloads arrive on a stream, each is perceptually hashed
  * through the REAL decode path ([[graft.operators.Multimodal.phash64]]
  * — PNG CRC-verified chunks, zlib inflate, filter reconstruction, then
  * the 8×8 integer average-hash, byte-identical to batch `mm_phash`),
  * and every newcomer is checked against the corpus seen so far through
  * 4×16-bit band-bucket state, emitting Hamming ≤ 3 pairs exactly once.
  *
  * Topology (the round-9/15 lean-state shape shared with the sibling
  * gates through [[BucketGate]]): a typed flatMap hashes each payload and
  * emits its 4 (band_idx, band_val) rows; `flatMapGroupsWithState` keyed
  * on the band bucket stores packed primitive arrays of (doc_id, band
  * values BELOW the group's band, hash halves) and elects each
  * bucket-mate pair once on the smallest shared band. Unlike the
  * text/vector gates, the exact confirm runs IN-OP: the full content a
  * Hamming confirm needs is the 16-byte hash already in state — storing
  * it IS the lean choice (the text gate moved its confirm downstream
  * because shingle sets are O(tokens); here a downstream join would cost
  * more than the 16 B it saves). ~(24 + 4·bIdx) B per member,
  * payload-size independent.
  *
  * Recall contract: Hamming ≤ 3 with 4 bands is EXACT by pigeonhole —
  * 3 flipped bits cannot touch all 4 bands, so every qualifying pair is
  * bucket-mates in its smallest shared band and is checked there. The
  * spec proves stream/batch parity: streamed over the test corpus in
  * arbitrary chunking, [[distinctPairs]] equals batch `mm_phash` rows
  * exactly, including a pair split across micro-batches.
  *
  * Scale: bucket populations are perceptual-cluster populations, not
  * corpus populations — but stop-frame corpora make them
  * duplication-sized (sf10: 22 buckets carried 72% of all candidate
  * rows), so all three lanes take the newest-N ring bound via
  * `spark.graft.phashGateBucketCap` (round 18 — the
  * `embGateBucketCap` treatment, same recall trade, spec-pinned).
  * Retention bounding composes exactly as in
  * [[StreamDedup.candidatesBounded]] when the duplicate horizon is
  * bounded. */
object StreamPhashDedup {

  /** A confirmed perceptual near-dup (Hamming ≤ maxHamming), elected
    * exactly once on the smallest shared band. */
  final case class PhashHit(id1: Long, id2: Long, hamming: Long, band_idx: Int)

  /** Packed band-member state ([[StreamDedup.PackedBandMembers]] plus
    * the 16-byte hash the in-op Hamming confirm reads): `ids(j)` is
    * member j's doc_id, `pre(j*b .. j*b+b-1)` its band values at bands
    * 0..b-1 (all the smallest-shared-band election reads), `hi(j)`/
    * `lo(j)` its hash halves. */
  final case class PackedPhashMembers(ids: Array[Long], pre: Array[Int],
      hi: Array[Long], lo: Array[Long])

  private def bandsOf(hi: Long, lo: Long): Array[Int] = Array(
    (lo & 0xFFFFL).toInt, ((lo >>> 16) & 0xFFFFL).toInt,
    (hi & 0xFFFFL).toInt, ((hi >>> 16) & 0xFFFFL).toInt)

  /** Confirmed Hamming ≤ `maxHamming` pairs from a streaming
    * (doc_id, text) frame, each pair emitted exactly once (when its
    * later payload arrives). `maxHamming` above 3 voids the pigeonhole
    * recall guarantee (4 bands only cover ≤ 3 flips) — kept a parameter
    * for recall-tolerant deployments, defaulted to the exact point. */
  def hits(docs: DataFrame, maxHamming: Int = 3): Dataset[PhashHit] =
    hitsWith(docs, graft.operators.Multimodal.phash64, maxHamming)

  /** The AUDIO lane: same gate over [[graft.operators.Multimodal
    * .audioFp64]] (the energy-envelope fingerprint through the real WAV
    * decode path) — batch parity target is `mm_audio_phash`. */
  def audioHits(docs: DataFrame, maxHamming: Int = 3): Dataset[PhashHit] =
    hitsWith(docs, graft.operators.Multimodal.audioFp64, maxHamming)

  /** Shared gate machinery: any 64-bit perceptual hash rides the same
    * 4×16-bit band-bucket state and smallest-shared-band election.
    *
    * BUCKET CAP (round 18, r17 verdict #2): perceptual band buckets go
    * duplication-sized on stop-frame corpora (sf10 measured band df 3291
    * with 22 buckets carrying 72% of all candidate rows), so
    * [[graft.Conf.PhashGateBucketCapConf]] > 0 bounds every (band_idx,
    * band_val) group to a newest-N ring — the [[StreamEmbDedup]] cap,
    * through the same [[BucketGate]]. Election stays signature-based
    * (the newcomer's band prefix vs the member's stored prefix), so a
    * capped gate never DUPLICATES a pair; it misses one iff the earlier
    * image rotated out of the smallest-shared-band ring before the later
    * arrived. Under
    * the cap, redelivery idempotence narrows to the ring window — feed
    * exactly-once is the boundary, as in the emb gate. Default 0 keeps
    * the exact pigeonhole contract. */
  private def hitsWith(docs: DataFrame, hashFn: String => Option[(Long, Long)],
      maxHamming: Int): Dataset[PhashHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // read ONCE at stream build; the closure captures the value
    val bucketCap = graft.Conf.int(spark, graft.Conf.PhashGateBucketCapConf, 0)
    docs
      .select("doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        hashFn(text).iterator.flatMap { case (hi, lo) =>
          val bands = bandsOf(hi, lo)
          bands.iterator.zipWithIndex.map { case (bv, bIdx) =>
            (bIdx, bv, id, bands.take(bIdx), hi, lo)
          }
        }
      }
      .groupByKey { case (bIdx, bv, _, _, _, _) => (bIdx, bv) }
      .flatMapGroupsWithState[PackedPhashMembers, PhashHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((bIdx, _), rows, state) =>
          val st = state.getOption.getOrElse(PackedPhashMembers(
            Array.emptyLongArray, Array.emptyIntArray,
            Array.emptyLongArray, Array.emptyLongArray))
          val g = BucketGate(BucketGate.Ints, bIdx, bucketCap, st.ids, st.pre)(
            rows.map(r => BucketGate.In(r._3, r._4, r)))
          val out = scala.collection.mutable.ArrayBuffer.empty[PhashHit]
          g.pair { (i, j) =>
            val r = g.in(i).row
            val restored = j < g.n
            val d = java.lang.Long.bitCount(r._5 ^ (if (restored) st.hi(j) else g.row(j)._5)) +
              java.lang.Long.bitCount(r._6 ^ (if (restored) st.lo(j) else g.row(j)._6))
            if (d <= maxHamming)
              out += PhashHit(math.min(r._3, g.id(j)), math.max(r._3, g.id(j)), d.toLong, bIdx)
          }
          g.commit(state)(PackedPhashMembers(g.ids, g.pre,
            g.keep(st.hi)(_._5), g.keep(st.lo)(_._6)))
          out.iterator
      }
  }

  /** One row per confirmed pair — already distinct by the
    * smallest-shared-band election; the frame to compare against batch
    * `mm_phash`. */
  def distinctPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hits(docs, maxHamming).toDF().drop("band_idx")

  /** Audio-lane twin of [[distinctPairs]] — compares against batch
    * `mm_audio_phash`. */
  def distinctAudioPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    audioHits(docs, maxHamming).toDF().drop("band_idx")

  /** A confirmed streaming video near-dup: shared distinct frame hashes
    * cover ≥ half the shorter video's hashes (floor 2) — batch parity
    * target is `mm_video_phash` (unwindowed). */
  final case class VideoHit(id1: Long, id2: Long, n_shared: Long,
      containment_pct: Long)

  /** Per-frame-hash bucket state for the VIDEO lane: member doc_ids plus
    * their FULL sorted hash sets, flattened ([[offs]](j) is the end
    * offset of member j's hashes in [[hsFlat]]). Sets are ≤ frame-count
    * longs, so storing them IS the lean choice — the containment confirm
    * needs the whole set, and it is payload-size independent
    * (~8+4+8·frames B per member). */
  final case class PackedVideoMembers(ids: Array[Long], offs: Array[Int],
      hsFlat: Array[Long])

  /** Smallest shared packed hash of two SORTED sets, or None — the
    * election key of the video lane (emit a pair only in the bucket of
    * its smallest shared hash → exactly one emission). */
  private def minShared(a: Array[Long], bFlat: Array[Long], bFrom: Int,
      bTo: Int): Option[Long] = {
    var i = 0
    var j = bFrom
    while (i < a.length && j < bTo) {
      if (a(i) == bFlat(j)) return Some(a(i))
      else if (a(i) < bFlat(j)) i += 1
      else j += 1
    }
    None
  }

  private def intersectCount(a: Array[Long], bFlat: Array[Long], bFrom: Int,
      bTo: Int): Int = {
    var i = 0
    var j = bFrom
    var n = 0
    while (i < a.length && j < bTo) {
      if (a(i) == bFlat(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < bFlat(j)) i += 1
      else j += 1
    }
    n
  }

  /** STREAMING video near-dup gate — the fifth ingest-gate modality
    * (text / embedding / image / audio / VIDEO): payloads decode through
    * the real AVI path ([[graft.operators.Multimodal.videoFrameHashes]],
    * byte-identical to batch `mm_video_phash`), every newcomer meets the
    * corpus so far inside its frame-hash buckets, and the containment
    * confirm runs IN-OP on the full hash sets both sides already carry —
    * n_shared is EXACT. A pair is elected exactly once: only the bucket
    * of the pair's SMALLEST shared hash emits it (both hash sets are
    * known at confirm time, so the smallest shared hash is computable
    * wherever the pair meets).
    *
    * BUCKET CAP (round 18, r17 verdict #2): stop-frame buckets (black
    * frames, title cards) carried 72% of 1.73e9 candidate rows at sf10
    * — [[graft.Conf.PhashGateBucketCapConf]] > 0 bounds every
    * frame-hash bucket to its newest N members. The election key is the
    * smallest shared hash over the FULL sets, so a capped gate never
    * double-emits: if the earlier video rotated out of the electing
    * bucket's ring, a higher shared bucket still fails the
    * `minShared == h` check — the pair is purely missed, the same
    * recall trade as the emb/image rings. Default 0 keeps exact. */
  def videoHits(docs: DataFrame): Dataset[VideoHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // read ONCE at stream build; the closure captures the value
    val bucketCap = graft.Conf.int(spark, graft.Conf.PhashGateBucketCapConf, 0)
    docs
      .select("doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = graft.operators.Multimodal.videoFrameHashes(text)
        hs.iterator.map(h => (h, id, hs))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[PackedVideoMembers, VideoHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (h, rows, state) =>
          val st = state.getOption.getOrElse(PackedVideoMembers(
            Array.emptyLongArray, Array.emptyIntArray, Array.emptyLongArray))
          // no prefix: the election is the smallest shared hash, checked
          // in the confirm below
          val g = BucketGate(BucketGate.Ints, 0, bucketCap, st.ids, Array.emptyIntArray)(
            rows.map { case (_, id, hs) => BucketGate.In(id, Array.emptyIntArray, hs) })
          val out = scala.collection.mutable.ArrayBuffer.empty[VideoHit]
          def confirm(i: Int, j: Int, mFlat: Array[Long], mFrom: Int, mTo: Int): Unit = {
            val hs = g.in(i).row
            val shared = intersectCount(hs, mFlat, mFrom, mTo)
            val mn = math.min(hs.length, mTo - mFrom)
            if (shared >= 2 && 2 * shared >= mn &&
                minShared(hs, mFlat, mFrom, mTo).contains(h))
              out += VideoHit(math.min(g.in(i).id, g.id(j)), math.max(g.in(i).id, g.id(j)),
                shared.toLong, (100L * shared) / mn)
          }
          g.pair { (i, j) =>
            if (j < g.n) confirm(i, j, st.hsFlat, if (j == 0) 0 else st.offs(j - 1), st.offs(j))
            else confirm(i, j, g.row(j), 0, g.row(j).length)
          }
          g.commit(state) {
            // kept restored members are one suffix of hsFlat; re-base it
            val from = math.min(g.keptFrom, g.n)
            val base = if (from == 0) 0 else st.offs(from - 1)
            val sets = g.keptRows
            PackedVideoMembers(g.ids,
              st.offs.drop(from).map(_ - base) ++
                sets.scanLeft(st.hsFlat.length - base)(_ + _.length).drop(1),
              st.hsFlat.drop(base) ++ sets.flatten)
          }
          out.iterator
      }
  }

  /** One row per confirmed video pair — the frame to compare against
    * batch `mm_video_phash` (unwindowed). */
  def distinctVideoPairs(docs: DataFrame): DataFrame = videoHits(docs).toDF()
}
