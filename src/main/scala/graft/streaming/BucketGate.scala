package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.streaming.GroupState

/** The bucket-member kernel of the streaming dedup gates
  * ([[StreamDedup]], [[StreamEmbDedup]], [[StreamPhashDedup]]): the body
  * every gate's `flatMapGroupsWithState` group function shares — state
  * per group, written once per batch, restorable from its checkpoint.
  *
  * A group is one LSH bucket. Its members are numbered in arrival order:
  * the restored members 0 … n−1, then each newcomer that stores. A batch's
  * newcomers are taken in id order, so pairing is independent of
  * micro-batch chunking. A newcomer meets members [lo(m), m), where m is
  * the member count so far and lo(m) = max(0, m − cap) under a newest-N
  * ring (`cap` ≤ 0: no ring). The new state is members [lo(M), M). So a
  * restored ring larger than the cap (a checkpoint written uncapped or at
  * a larger cap) is truncated before any pairing, eviction is an index
  * bound rather than a per-newcomer copy, and a group that evicts nothing
  * keeps its restored primitive arrays up to the one concat of [[commit]].
  *
  * A newcomer meets a member only when their election prefixes share no
  * slot ([[Prefix.sharesBelow]]): both share THIS bucket by construction,
  * so the pair is elected here iff no smaller shared bucket exists. The
  * lane's `meet` confirms and emits.
  *
  * Also owned here: membership dedup (a storing id already inside the
  * window is a redelivery and is skipped); probe rows, which pair but
  * never store and are deduped per batch (the emb gate's shard probes);
  * retention expiry before pairing in timed lanes (expired members leave
  * first, then the ring drops the oldest); one `state.update` per changed
  * group, `state.remove()` once a group is empty, and the event-time
  * timeout at the newest member + 1 ms. */
private[streaming] final class BucketGate[P, R] private (
    prefix: BucketGate.Prefix[P], b: Int, cap: Int,
    ids0: Array[Long], pre0: P, ts0: Array[Long], wmMs: Long, expired: Boolean,
    ins: Array[BucketGate.In[P, R]]) {
  import BucketGate.In

  /** Restored members (after expiry). Member j < n is the restored state's
    * member j whenever nothing expired — always, in untimed lanes. */
  val n: Int = ids0.length
  // stored(q) = the newcomer index that became member n + q
  private val stored = new Array[Int](ins.length)
  private var k = 0

  private def lo(m: Int): Int = if (cap > 0 && m > cap) m - cap else 0

  /** Newcomer i of this batch, in id order. */
  def in(i: Int): In[P, R] = ins(i)

  /** Member j's id. */
  def id(j: Int): Long = if (j < n) ids0(j) else ins(stored(j - n)).id

  /** The lane row of member j ≥ n (a newcomer stored this batch). */
  def row(j: Int): R = ins(stored(j - n)).row

  private def isMember(id: Long, from: Int, m: Int): Boolean = {
    var j = from
    while (j < m) {
      if (this.id(j) == id) return true
      j += 1
    }
    false
  }

  /** Runs the batch: `meet(i, j)` for newcomer i and every member j of its
    * window that the prefix election leaves to this bucket. */
  def pair(meet: (Int, Int) => Unit): Unit = {
    var probed: scala.collection.mutable.HashSet[Long] = null
    var i = 0
    while (i < ins.length) {
      val in = ins(i)
      val m = n + k
      val from = lo(m)
      val fresh =
        if (in.store) !isMember(in.id, from, m)
        else {
          if (probed == null) probed = scala.collection.mutable.HashSet.empty[Long]
          probed.add(in.id)
        }
      if (fresh) {
        var j = from
        while (j < n) {
          if (!prefix.sharesBelow(in.pre, pre0, j * b, b)) meet(i, j)
          j += 1
        }
        j = math.max(from, n)
        while (j < m) {
          if (!prefix.sharesBelow(in.pre, ins(stored(j - n)).pre, 0, b)) meet(i, j)
          j += 1
        }
        if (in.store) { stored(k) = i; k += 1 }
      }
      i += 1
    }
  }

  /** First kept member of the new state. */
  def keptFrom: Int = lo(n + k)

  /** The kept newcomers' rows, in member order. */
  def keptRows(implicit ct: ClassTag[R]): Array[R] = {
    val first = math.max(keptFrom, n)
    Array.tabulate(n + k - first)(q => row(first + q))
  }

  /** A per-member column of the new state: restored `col` (stride `w`)
    * over the kept restored members, then `put` for each kept newcomer. */
  private def gather[A](col: A, w: Int, alloc: Int => A)(put: (In[P, R], A, Int) => Unit): A = {
    val from = keptFrom
    val m = n + k
    val out = alloc((m - from) * w)
    if (from < n) System.arraycopy(col, from * w, out, 0, (n - from) * w)
    var q = math.max(from, n)
    while (q < m) {
      put(ins(stored(q - n)), out, (q - from) * w)
      q += 1
    }
    out
  }

  /** The new state's ids, prefixes and event-time millis. */
  def ids: Array[Long] = gather(ids0, 1, new Array[Long](_))((in, a, at) => a(at) = in.id)
  def pre: P = gather(pre0, b, prefix.alloc)((in, a, at) => System.arraycopy(in.pre, 0, a, at, b))
  def tsMs: Array[Long] = gather(ts0, 1, new Array[Long](_))((in, a, at) => a(at) = in.tsMs)

  /** A lane's own Long column of the new state (untimed lanes only:
    * `col` is indexed by restored member). */
  def keep(col: Array[Long])(f: R => Long): Array[Long] =
    gather(col, 1, new Array[Long](_))((in, a, at) => a(at) = f(in.row))

  /** Writes the group: `pack` (built from the accessors above) once if the
    * membership changed, `remove()` if it is empty, and in timed lanes
    * the event-time timeout at the newest member + 1 ms — once the
    * watermark passes it every member has expired. */
  def commit[S](state: GroupState[S])(pack: => S): Unit = {
    val m = n + k
    val from = lo(m)
    if (m == 0) { if (state.exists) state.remove() }
    else {
      if (k > 0 || from > 0 || expired) state.update(pack)
      if (ts0 != null) {
        var newest = Long.MinValue
        var q = from
        while (q < m) {
          newest = math.max(newest, if (q < n) ts0(q) else ins(stored(q - n)).tsMs)
          q += 1
        }
        if (newest + 1L > wmMs) state.setTimeoutTimestamp(newest + 1L)
      }
    }
  }
}

private[streaming] object BucketGate {

  /** One newcomer row: its id, its election prefix (one slot per LSH
    * table or band below the group's own), the lane's `row`, whether it
    * stores (false: a probe that only pairs), and its event time in
    * timed lanes. */
  final case class In[P, R](id: Long, pre: P, row: R, store: Boolean = true,
      tsMs: Long = 0L)

  /** Prefix element type: Int (hyperplane buckets, phash bands) or Long
    * (MinHash band signatures). */
  sealed abstract class Prefix[P] {
    def alloc(len: Int): P

    /** True iff the newcomer prefix `p` shares a slot with the `b`-slot
      * member prefix at `pre(base ..)` — the pair was elected on an
      * earlier table or band. */
    def sharesBelow(p: P, pre: P, base: Int, b: Int): Boolean
  }

  object Ints extends Prefix[Array[Int]] {
    def alloc(len: Int): Array[Int] = new Array[Int](len)
    def sharesBelow(p: Array[Int], pre: Array[Int], base: Int, b: Int): Boolean = {
      var i = 0
      while (i < b) {
        if (p(i) == pre(base + i)) return true
        i += 1
      }
      false
    }
  }

  object Longs extends Prefix[Array[Long]] {
    def alloc(len: Int): Array[Long] = new Array[Long](len)
    def sharesBelow(p: Array[Long], pre: Array[Long], base: Int, b: Int): Boolean = {
      var i = 0
      while (i < b) {
        if (p(i) == pre(base + i)) return true
        i += 1
      }
      false
    }
  }

  /** One group's pass over its restored members (`ids`, prefixes `pre` at
    * stride `b`, and in timed lanes `tsMs` with the watermark `wmMs`) and
    * this batch's `rows`. Members older than the watermark expire here,
    * before any pairing. */
  def apply[P, R](prefix: Prefix[P], b: Int, cap: Int, ids: Array[Long], pre: P,
      tsMs: Array[Long] = null, wmMs: Long = 0L)(
      rows: Iterator[In[P, R]]): BucketGate[P, R] = {
    val ins = rows.toArray.sortBy(_.id)
    if (tsMs == null || !tsMs.exists(_ < wmMs))
      new BucketGate(prefix, b, cap, ids, pre, tsMs, wmMs, expired = false, ins)
    else {
      val keep = tsMs.indices.filter(tsMs(_) >= wmMs).toArray
      val kept = prefix.alloc(keep.length * b)
      keep.indices.foreach(q => System.arraycopy(pre, keep(q) * b, kept, q * b, b))
      new BucketGate(prefix, b, cap, keep.map(ids(_)), kept, keep.map(tsMs(_)), wmMs,
        expired = true, ins)
    }
  }
}
