package graftbench

import java.io.{File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated change event, kept in memory for the reference fold. */
final case class Event(op: String, id: String, data: Map[String, String],
    old: Map[String, String], ts: Long, table: String)

/** A seeded Maxwell feed for one replicated table, written with plain file IO
  * (no Spark jobs), so the same seed gives byte-identical files.
  *
  * The source table is `database.accounts(id, name, region, amount,
  * event_id)`. Every DML event carries the full post-image in `data`, the
  * changed columns' prior values in `old` (always including `event_id`,
  * which every event advances), an epoch-second `ts` and the `event_id`
  * sequence that orders same-second events. A fixed share of events goes
  * to `audit_log`, a table without the `id` primary key, so the replica lane
  * must dead-letter them. */
final class Feed(seed: Long, snapshotKeys: Int, rejectPermille: Int) {
  val database = "shop"
  val table = "accounts"
  val rejectTable = "audit_log"

  private val rnd = new SplittableRandom(seed)
  private val rows = mutable.HashMap.empty[String, Map[String, String]]
  private val live = mutable.ArrayBuffer.empty[String]
  private val slot = mutable.HashMap.empty[String, Int]
  private var nextId = 0L
  private var eventSeq = 0L
  private var ts = 1700000000L // 2023-11-14; one event every 5 minutes
  private val events = mutable.ArrayBuffer.empty[Event]

  /** The snapshot the replica is bootstrapped from (event_id 0). */
  val snapshot: IndexedSeq[Map[String, String]] = (0 until snapshotKeys).map { _ =>
    val id = newId()
    val row = Map("id" -> id, "name" -> name(), "region" -> region(),
      "amount" -> amount(), "event_id" -> "0")
    add(id, row)
    row
  }

  private def newId(): String = { val id = nextId.toString; nextId += 1; id }
  private def name(): String = "n" + java.lang.Long.toString(rnd.nextLong(1L << 30), 36)
  private def region(): String = rnd.nextInt(16).toString
  private def amount(): String = {
    val cents = rnd.nextInt(1000000)
    f"${cents / 100}%d.${cents % 100}%02d"
  }
  private def add(id: String, row: Map[String, String]): Unit = {
    rows(id) = row; slot(id) = live.size; live += id
  }
  private def remove(id: String): Unit = {
    val i = slot.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; slot(last) = i }
    rows.remove(id)
  }

  /** The next DML event; updates 70 %, inserts 15 %, deletes 15 % of the
    * accounts events, after the dead-letter share. */
  private def nextEvent(): Event = {
    eventSeq += 1
    ts += 300
    val seq = eventSeq.toString
    if (rnd.nextInt(1000) < rejectPermille)
      return Event("insert", null, Map("note" -> name(), "event_id" -> seq), null, ts, rejectTable)
    val r = rnd.nextInt(100)
    if (live.isEmpty || (r >= 70 && r < 85)) {
      val id = newId()
      val row = Map("id" -> id, "name" -> name(), "region" -> region(),
        "amount" -> amount(), "event_id" -> seq)
      add(id, row)
      Event("insert", id, row, null, ts, table)
    } else {
      val id = live(rnd.nextInt(live.size))
      val prior = rows(id)
      if (r < 70) {
        val changed = Seq("name", "region", "amount").filter(_ => rnd.nextBoolean()) match {
          case Seq() => Seq("amount")
          case cs => cs
        }
        val fresh = changed.map {
          case "name" => "name" -> name()
          case "region" => "region" -> region()
          case c => c -> amount()
        }.toMap + ("event_id" -> seq)
        val row = prior ++ fresh
        rows(id) = row
        Event("update", id, row, fresh.keys.map(c => c -> prior(c)).toMap, ts, table)
      } else {
        remove(id)
        Event("delete", id, prior, null, ts, table)
      }
    }
  }

  /** Generate `n` events and write them to `file` as Maxwell JSON lines;
    * returns the number written. The file gets modification time `mtime`
    * so the file source replays files in generation order. */
  def writeFile(file: File, n: Int, mtime: Long): Int = {
    writeLines(file, (0 until n).map { _ =>
      val e = nextEvent()
      events += e
      maxwell(e)
    }, mtime)
    n
  }

  /** Maxwell `database-create` + `table-create` for the accounts table,
    * with epoch-millisecond `ts` as Maxwell ships DDL. */
  def ddlLines: Seq[String] = Seq(
    s"""{"database":"$database","table":null,"type":"database-create","ts":1699999998000,"sql":"CREATE DATABASE $database"}""",
    s"""{"database":"$database","table":"$table","type":"table-create","ts":1699999999000,""" +
      s""""sql":"CREATE TABLE `$table` (id BIGINT, name LONGTEXT, region INT, amount DOUBLE, event_id BIGINT)"}""")

  def writeLines(file: File, lines: Seq[String], mtime: Long): Unit = {
    file.getParentFile.mkdirs()
    val w: Writer = new OutputStreamWriter(new FileOutputStream(file), UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    file.setLastModified(mtime)
  }

  /** Snapshot rows as JSON lines of string values, read back with an
    * all-string schema so `bootstrapReplica` stores the values verbatim. */
  def writeSnapshot(file: File): Unit =
    writeLines(file, snapshot.map(obj), System.currentTimeMillis())

  def generated: Seq[Event] = events.toSeq
  def dmlEvents: Int = events.size
  def rejectEvents: Int = events.count(_.table == rejectTable)

  private def maxwell(e: Event): String = {
    val sb = new StringBuilder
    sb.append(s"""{"database":"$database","table":"${e.table}","type":"${e.op}","ts":${e.ts},""")
    sb.append(s""""xid":${e.ts},"data":""").append(obj(e.data))
    if (e.old != null) sb.append(""","old":""").append(obj(e.old))
    sb.append('}').toString
  }

  private def obj(m: Map[String, String]): String = Json.obj(m.toSeq.sortBy(_._1): _*)
}

object Feed {
  /** Reference fold of `events` over `snapshot`: an insert replaces the row,
    * an update applies the post-image, a delete removes it. Events on tables
    * without the primary key are ignored, as the replica must. */
  def fold(snapshot: Seq[Map[String, String]], events: Seq[Event],
      table: String): Map[String, Map[String, String]] = {
    val m = mutable.HashMap.empty[String, Map[String, String]]
    snapshot.foreach(r => m(r("id")) = r)
    events.iterator.filter(_.table == table).foreach { e =>
      e.op match {
        case "insert" | "update" => m(e.id) = e.data
        case "delete" => m.remove(e.id)
      }
    }
    m.toMap
  }
}
