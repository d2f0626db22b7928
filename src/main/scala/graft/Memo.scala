package graft

import org.apache.spark.sql.SparkSession

/** A memo of values derived from a data dir: guard statistics, pinned LSH
  * pair/label frames, BPE merge tables, parquet schemas. Correctness never
  * depends on a hit — a miss just recomputes.
  *
  * Lifetime contract:
  *   - the key is a STRING: dir + [[Registry.dirFingerprint]] + tag, led by
  *     [[Registry.sessionToken]] (a per-session UUID, never the SparkSession
  *     object, which would pin a stopped session for the JVM lifetime) when
  *     `perSession`. The fingerprint makes data regenerated or appended
  *     under the same path recompute instead of serving values of the dead
  *     corpus;
  *   - `perSession` is for values that belong to their session (a
  *     DataFrame). Plain data computed from the files alone (a schema, a
  *     count, a merge table) is shared by every session of the JVM; the tag
  *     carries any session conf the value depends on;
  *   - bounded at `cap` entries, evicted LRU (round 14): a get touches its
  *     entry, and an overflow evicts only the coldest one. Clear-on-overflow
  *     wiped every entry on the cap+1-th key, so a long-lived multi-dir
  *     session thrashed recomputes of its HOT keys;
  *   - the compute runs OUTSIDE the lock, so a get of an unrelated key is
  *     never blocked behind a Spark job. Two threads that miss the same key
  *     may both compute; the first value stored is the one both return;
  *   - a computed value that fails `keep` is returned but never stored, so
  *     every get of its key computes again. */
final class Memo[V <: AnyRef](cap: Int, perSession: Boolean) {
  private val entries = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean = size() > cap
  }

  def get(s: SparkSession, dir: String, tag: String = "", keep: V => Boolean = (_: V) => true)
      (compute: => V): V = {
    val key = (if (perSession) Registry.sessionToken(s) + "|" else "") + dir + "|" +
      Registry.dirFingerprint(s, dir) + "|" + tag
    val hit = entries.synchronized(entries.get(key))
    if (hit != null) hit
    else {
      val v = compute
      if (!keep(v)) v
      else entries.synchronized {
        val prev = entries.get(key)
        if (prev != null) prev else { entries.put(key, v); v }
      }
    }
  }
}
