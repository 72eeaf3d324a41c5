package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** One `orders` row (the `CdcSim.payloadSchema` shape) with its version. */
final case class Order(id: Long, custkey: Long, price: Double, status: String,
    tsMs: Long)

/** A generated change: op 'c'/'u' carry the new row, 'd' the before image. */
final case class Change(op: Char, row: Order)

/** One generated envelope file: its changes in order, its JSON lines
  * (changes plus malformed envelopes), and its creation stamp.
  */
final case class Batch(changes: Vector[Change], lines: Vector[String],
    malformed: Int, createdMs: Long) {
  def events: Int = lines.size
}

/** Event mix: `insert` share new keys, `delete` share deletes of a
  * uniformly drawn live key, the rest updates skewed toward recently
  * inserted keys; after `malformed` of the changes a truncated copy of the
  * envelope is added as an extra line.
  */
final case class Mix(insert: Double, delete: Double, malformed: Double)

/** Seeded Debezium envelope generator for the `orders` topic.
  *
  * In a batch stamped once (the trickle shape) keys are distinct and every
  * later batch carries a greater stamp; in a per-event-stamped batch (the
  * pre-landed topic shape) every event has its own stamp. Either way each
  * key's versions strictly increase, so the plain fold in [[Gen.fold]]
  * (last write wins, delete removes) is exactly the ReplacingMergeTree
  * answer the store must hold.
  */
final class Gen(seed: Long, firstId: Long = 1L) {
  private val rnd = new SplittableRandom(seed)
  private var nextId = firstId
  // live keys, their current rows, and an index for O(1) uniform draws
  private val rows = mutable.HashMap.empty[Long, Order]
  private val liveIds = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]

  private def addLive(o: Order): Unit = {
    if (!pos.contains(o.id)) { pos(o.id) = liveIds.size; liveIds += o.id }
    rows(o.id) = o
  }

  private def removeLive(id: Long): Unit = pos.remove(id).foreach { i =>
    val last = liveIds.last
    liveIds(i) = last
    pos(last) = i
    liveIds.remove(liveIds.size - 1)
    if (last == id) pos.remove(id)
    rows.remove(id)
  }

  private def newRow(id: Long, ts: Long): Order =
    Order(id, 1L + rnd.nextInt(15000), (100 + rnd.nextInt(5000000)) / 100.0,
      Gen.Statuses(rnd.nextInt(Gen.Statuses.length)), ts)

  /** A recently inserted live key: geometric distance back from the newest
    * id, falling back to a uniform live key after a few misses.
    */
  private def recentLive(used: mutable.Set[Long]): Option[Long] = {
    var tries = 0
    while (tries < 8) {
      val back = (-math.log(1.0 - rnd.nextDouble()) * 2000).toLong
      val id = nextId - 1 - back
      if (rows.contains(id) && !used.contains(id)) return Some(id)
      tries += 1
    }
    uniformLive(used)
  }

  private def uniformLive(used: mutable.Set[Long]): Option[Long] = {
    var tries = 0
    while (tries < 8 && liveIds.nonEmpty) {
      val id = liveIds(rnd.nextInt(liveIds.size))
      if (!used.contains(id)) return Some(id)
      tries += 1
    }
    None
  }

  /** The next batch of `n` changes, every change stamped `tsMs` (or
    * `tsMs + i` for the i-th change when `perEventTs`, where keys may then
    * repeat inside the batch).
    */
  def batch(n: Int, tsMs: Long, mix: Mix, perEventTs: Boolean = false): Batch = {
    val used = mutable.HashSet.empty[Long]
    val changes = Vector.newBuilder[Change]
    val lines = Vector.newBuilder[String]
    var malformed = 0
    var i = 0
    while (i < n) {
      val ts = if (perEventTs) tsMs + i else tsMs
      val r = rnd.nextDouble()
      val change =
        if (r < mix.insert || liveIds.isEmpty) {
          val o = newRow(nextId, ts); nextId += 1
          Some(Change('c', o))
        } else if (r < mix.insert + mix.delete) {
          uniformLive(used).map(id => Change('d', rows(id).copy(tsMs = ts)))
        } else {
          recentLive(used).map { id =>
            val old = rows(id)
            val o = newRow(id, ts)
            Change('u', o.copy(custkey = old.custkey))
          }
        }
      change.foreach { c =>
        if (!perEventTs) used += c.row.id
        if (c.op == 'd') removeLive(c.row.id) else addLive(c.row)
        changes += c
        val json = Gen.envelope(c)
        if (rnd.nextDouble() < mix.malformed) {
          // a truncated envelope: Envelope.parse yields an all-null row
          lines += json.substring(0, json.length / 2)
          malformed += 1
        }
        lines += json
      }
      i += 1
    }
    Batch(changes.result(), lines.result(), malformed, tsMs)
  }
}

object Gen {
  val Statuses: Array[String] = Array("NEW", "PAID", "SHIPPED", "DONE")

  def payload(o: Order): String =
    s"""{"id":${o.id},"custkey":${o.custkey},"price":${o.price},"status":"${o.status}"}"""

  def envelope(c: Change): String =
    if (c.op == 'd')
      s"""{"before":${payload(c.row)},"after":null,"op":"d","ts_ms":${c.row.tsMs}}"""
    else
      s"""{"before":null,"after":${payload(c.row)},"op":"${c.op}","ts_ms":${c.row.tsMs}}"""

  /** The expected store state: a plain fold over changes in emission
    * order (last write wins, delete removes). Valid because the generator
    * never gives one key two changes with the same `ts_ms`.
    */
  def fold(changes: IterableOnce[Change],
      init: Map[Long, Order] = Map.empty): Map[Long, Order] = {
    val m = mutable.HashMap.empty[Long, Order] ++= init
    changes.iterator.foreach { c =>
      if (c.op == 'd') m.remove(c.row.id) else m(c.row.id) = c.row
    }
    m.toMap
  }

  /** Order-independent digest of a key → row state: row count plus the
    * wrapping sum of per-row hashes (exact double bits, so any value drift
    * shows).
    */
  def digest(rows: Iterable[Order]): (Long, Long) = {
    var sum = 0L
    rows.foreach(o => sum += rowHash(o))
    (rows.size.toLong, sum)
  }

  def rowHash(o: Order): Long = {
    var h = 1125899906842597L
    for (x <- Seq(o.id, o.custkey, java.lang.Double.doubleToLongBits(o.price),
        o.status.hashCode.toLong, o.tsMs)) h = 31 * h + x
    h ^ (h >>> 29)
  }

  /** Write `lines` to `staging`, then rename it to `target` (same file
    * system, outside the watched dir): a file source never sees a partial
    * file.
    */
  def land(lines: Seq[String], staging: Path, target: Path): Unit = {
    Files.createDirectories(staging.getParent)
    Files.write(staging, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
  }
}
