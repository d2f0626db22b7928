package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incrementally-maintained replica reconciliation digests — the streaming
  * twin of the batch `cdc_replica_checksum` operator: instead of
  * re-digesting the whole replica per reconciliation (O(N)), each replica
  * change updates its bucket's digest in O(1), so source↔replica compare
  * stays a `buckets`-row diff that is ALWAYS current.
  *
  * Digest arithmetic is identical to the batch op: md5 of the canonical
  * `id|event_id|cents` state string → first 15 hex chars as a 60-bit int →
  * mod 2³¹, summed per bucket (order-independent; Long-exact to ~4×10⁹
  * keys per bucket). A stream fed the same events therefore converges to
  * bit-equal digests (spec-asserted against the batch op).
  *
  * State per bucket is the pk→digest map — the same O(keys) the replica
  * itself holds; `buckets` bounds the group count (digest parallelism),
  * not the state size.
  */
object StreamChecksum {

  /** One bucket's current digest row, matching the batch op's shape. */
  case class BucketDigest(bucket: Int, n_keys: Long, checksum: Long)

  /** The batch op's digest, re-expressed in JVM arithmetic:
    * `conv(substring(md5(s), 1, 15), 16, 10) % 2^31` — identical values
    * because md5 hex and base-16 parsing agree. */
  def digestOf(id: String, eventId: String, cents: Long): Long = {
    val s = s"$id|$eventId|$cents"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483648L
  }

  /** The batch op's `round(value * 100).cast("long")` in JVM arithmetic.
    * Spark's `round()` on doubles is `BigDecimal(d).setScale(0, HALF_UP)`
    * — away-from-zero on .5 for BOTH signs, unlike `math.round` (toward
    * +∞, so -50.5 → -50 instead of -51). Parity spec'd against a Spark
    * session on adversarial negative half-values. */
  def centsOf(raw: String): Long =
    BigDecimal(raw.toDouble * 100)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** The batch op's `pmod(user_id, buckets)` in JVM arithmetic —
    * `floorMod`, not `abs(%)` (abs(-1)%16 = 1 but pmod(-1,16) = 15).
    * The digest state string keys on numeric ids, so a composite or
    * non-numeric encoded pk (see [[MaxwellStream.encodePk]]) cannot be
    * digested compatibly — reject it loudly instead of crashing with a
    * bare NumberFormatException inside a task. */
  def bucketOf(pk: String, buckets: Int): Int = {
    val n = try pk.toLong catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"StreamChecksum requires a single numeric primary key " +
          s"(bucket = pmod(pk, $buckets) must match the batch op); got " +
          s"non-numeric pk '$pk' — composite/string-keyed tables need a " +
          s"dedicated bucketing rule on both engines first", e)
    }
    Math.floorMod(n, buckets.toLong).toInt
  }

  /** `changes`: the replica changelog (e.g. [[MaxwellStream.replicaChangelog]]
    * over a maxwellified feed, whose `state` carries id/value/event_id).
    * Emits every touched bucket's updated digest each micro-batch
    * (Update mode). */
  def bucketDigests(changes: Dataset[MaxwellStream.StateChange],
      buckets: Int = 16): Dataset[BucketDigest] = {
    val s = changes.sparkSession
    import s.implicits._
    changes
      .groupByKey(c => bucketOf(c.pk, buckets))
      // flatMapGroupsWithState in APPEND mode: each emitted row is a final
      // monitoring record of the bucket's digest as of that batch, and the
      // query may still chain after another append-mode
      // flatMapGroupsWithState (the only stateful chaining Spark allows).
      .flatMapGroupsWithState[Map[String, Long], BucketDigest](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket, it, state: GroupState[Map[String, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          // (ts, seq) apply order within the batch, as everywhere in replay
          it.toVector.sortBy(c => (c.ts.getTime, c.seq)).foreach { c =>
            if (c.op == "tombstone") m -= c.pk
            else m += c.pk -> digestOf(c.state("id"), c.state("event_id"),
              centsOf(c.state("value")))
          }
          state.update(m)
          Iterator.single(BucketDigest(bucket, m.size.toLong, m.values.sum))
      }
  }

  /** Output mode of the digest query. */
  val outputMode: OutputMode = OutputMode.Append()
}
