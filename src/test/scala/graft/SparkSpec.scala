package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** STATE-TELEMETRY GATE for stateful streaming specs: asserts, from the
    * query's own QueryProgress stream, that the most recent batch with
    * state operators holds at most `maxRows` state rows total and — when
    * any rows remain — at most `maxBytesPerRow` store bytes per row. A
    * state-leak regression (eviction stops firing, a buffer grows with
    * doc length, a watermark stalls) then fails loudly WITH THE NUMBERS
    * instead of tripping a downstream 2× heuristic. `maxBytesPerRow`
    * bounds the marginal member footprint; state-store fixed overhead is
    * covered by `fixedBytes` (HDFSBackedStateStore keeps versioned maps
    * per operator even when near-empty). Returns (rows, bytes) so specs
    * can additionally compare runs. */
  def assertStateBounds(q: org.apache.spark.sql.streaming.StreamingQuery,
      maxRows: Long, maxBytesPerRow: Long, tag: String,
      fixedBytes: Long = 65536): (Long, Long) = {
    val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(withState.nonEmpty, s"$tag: no progress entry carries state operators")
    val last = withState.last.stateOperators
    val rows = last.map(_.numRowsTotal).sum
    val bytes = last.map(_.memoryUsedBytes).sum
    info(s"$tag state telemetry: $rows rows, $bytes B" +
      (if (rows > 0) s" (${bytes / rows} B/row)" else ""))
    assert(rows <= maxRows,
      s"$tag: $rows state rows exceed the $maxRows bound (leak: eviction not firing?)")
    assert(bytes <= fixedBytes + rows * maxBytesPerRow,
      s"$tag: $bytes state bytes for $rows rows exceed $fixedBytes + " +
        s"$rows×$maxBytesPerRow (member footprint grew?)")
    (rows, bytes)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** The production conf list ([[graft.Session]]) on 4 cores, with a
    * throwaway warehouse for the specs' `saveAsTable`s. */
  lazy val session: SparkSession = Session.local(4, extra = Map("spark.sql.warehouse.dir" ->
    TempDirs("wh")))
}
